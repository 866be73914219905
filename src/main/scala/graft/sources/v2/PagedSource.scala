package graft.sources.v2

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S7/S13 — the paginated-registry source (tuoyu_scraper.py /
  * fast_tuoyu_scraper.py shape) as a DataSourceV2 with real pushdown:
  *
  *  - `planInputPartitions` = one partition per page: the reference's
  *    "page 1 → totalPage → fan out all pages concurrently" becomes
  *    Spark's task-level parallelism; the semaphore/concurrency cap maps
  *    to scheduler slots, retry/backoff to `spark.task.maxFailures` plus
  *    per-request retry inside the reader.
  *  - `SupportsPushDownFilters`: predicates on `page` prune partitions at
  *    planning time (the API-side `key`/page-window parameters,
  *    SURVEY.md §4 filter-pushdown row).
  *  - `SupportsPushDownLimit`: a LIMIT caps the page fan-out
  *    (`top_k=100`-style recall caps, SURVEY.md §2.6 O3).
  *
  * The transport is a deterministic in-memory record generator standing in
  * for HTTP (zero-egress container); `PageFetcher.fetch` is the single
  * seam where a real client would plug in, retry loop included.
  */
class PagedSource extends TableProvider with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-paged"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = PagedSource.schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val pages = properties.getOrDefault("pages", "10").toInt
    // Bounded fan-out: one task per page is the right shape up to
    // MaxFanOut partitions, but a 1M-page registry must NOT plan 1M
    // tasks — driver scheduling is O(tasks) (~0.4 ms each, 6+ minutes
    // at 1M) and dwarfs the work. Past the cap, contiguous pages batch
    // into one task; an explicit `pagesperpartition` always wins.
    val ppp = Option(properties.get("pagesperpartition")).map(_.toInt)
      .getOrElse(math.max(1, (pages + PagedScan.MaxFanOut - 1) / PagedScan.MaxFanOut))
    new PagedTable(pages, properties.getOrDefault("pagesize", "10").toInt, ppp)
  }
}

object PagedSource {
  /** Institution registration record (FIXTURES.md §1). */
  val schema: StructType = StructType(Seq(
    StructField("page", IntegerType, nullable = false),
    StructField("idx", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("credit_code", StringType, nullable = false),
    StructField("institution_type", StringType, nullable = false),
    StructField("region_code", StringType, nullable = false)))
}

class PagedTable(pages: Int, pageSize: Int, pagesPerPartition: Int)
    extends Table with SupportsRead {
  override def name(): String = s"graft-paged($pages x $pageSize)"
  override def schema(): StructType = PagedSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PagedScanBuilder(pages, pageSize, pagesPerPartition,
      Option(options.get("pagespertrigger")).map(_.toInt).getOrElse(pagesPerPartition))
}

class PagedScanBuilder(pages: Int, pageSize: Int, pagesPerPartition: Int,
    pagesPerTrigger: Int = 1)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownAggregates with SupportsPushDownRequiredColumns
    with SupportsPushDownTopN with SupportsPushDownOffset {

  private var minPage = 0
  private var maxPage = pages - 1
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var aggSchema: Option[StructType] = None
  private var aggDesc: String = ""
  private var required: StructType = PagedSource.schema
  private var hadRejectedFilters = false

  /** Column pruning — a REST client's field selection. Keys-only and
    * empty projections matter most: `page`/`idx` (and the row count) are
    * pure registry metadata, so a pruned scan that needs no payload
    * column never touches the transport at all (see [[PagedReader]]) —
    * the COUNT-shaped plans an optimizer builds (where column pruning
    * runs BEFORE aggregate pushdown can see a pruned-empty Aggregate)
    * cost zero fetches instead of a full-registry ingest.
    */
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // defensive: honor only fields of the source schema, in the order
    // Spark asked for them (metadata columns never reach this source)
    required = StructType(requiredSchema.fields.filter(f =>
      PagedSource.schema.fieldNames.contains(f.name)))
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo("page", _: Integer) => true
      case GreaterThan("page", _: Integer) => true
      case GreaterThanOrEqual("page", _: Integer) => true
      case LessThan("page", _: Integer) => true
      case LessThanOrEqual("page", _: Integer) => true
      case _ => false
    }
    accepted.foreach {
      case EqualTo("page", v: Integer) =>
        minPage = math.max(minPage, v); maxPage = math.min(maxPage, v)
      case GreaterThan("page", v: Integer) => minPage = math.max(minPage, v + 1)
      case GreaterThanOrEqual("page", v: Integer) => minPage = math.max(minPage, v)
      case LessThan("page", v: Integer) => maxPage = math.min(maxPage, v - 1)
      case LessThanOrEqual("page", v: Integer) => maxPage = math.min(maxPage, v)
      case _ =>
    }
    pushed = accepted
    hadRejectedFilters = rejected.nonEmpty
    rejected   // Spark re-applies what the source can't guarantee
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pushLimit(l: Int): Boolean = {
    limit = Some(l)
    // partial pushdown: we cap pages, Spark still applies the exact limit
    false
  }

  /** Top-N pushdown — ORDER BY page [ASC|DESC] LIMIT n narrows the page
    * window from the matching END: the reader walks pages in ascending
    * order, so the first ceil(n/pageSize) pages (ASC) or the last
    * (DESC) are guaranteed to contain the top n rows. Partial pushdown
    * (isPartiallyPushed stays true): Spark keeps the Sort+Limit, the
    * source just stops fanning out pages that cannot contribute — the
    * REST analog of "read only the first/last API pages of a sorted
    * listing". Orderings on anything but the page key decline (row
    * order within a page is not a registry guarantee).
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    // only the PRIMARY sort key matters for the page-window bound: the
    // top-l rows under (page, <any tiebreaks>) still live in the first/
    // last ceil(l/pageSize) pages — secondary keys only permute rows
    // within a page, and the full Sort stays above us (partial push)
    val pageOrder = orders.headOption.flatMap { o =>
      o.expression() match {
        case f: NamedReference if f.fieldNames().sameElements(Array("page")) =>
          Some(o.direction())
        case _ => None
      }
    }
    pageOrder match {
      case Some(dir) =>
        val neededPages = math.max(1, (l + pageSize - 1) / pageSize)
        if (dir == SortDirection.ASCENDING) {
          maxPage = math.min(maxPage, minPage + neededPages - 1)
        } else {
          minPage = math.max(minPage, maxPage - neededPages + 1)
        }
        limit = Some(l)
        true
      case None => false
    }
  }

  /** OFFSET pushdown — the REST paging operation itself: skipping
    * offset rows is skipping offset/pageSize whole pages. COMPLETE
    * pushdown only (Spark deletes the Offset node), so accept only when
    * the skip is exact: a whole-page multiple, no post-scan filters in
    * between (a rejected filter means Spark still owes a Filter above
    * the scan, and offset-after-filter is not ours to answer), and no
    * limit already applied (LIMIT-then-OFFSET skips rows of the LIMITED
    * result, not of the window).
    */
  override def pushOffset(offset: Int): Boolean = {
    if (offset > 0 && offset % pageSize == 0 && !hadRejectedFilters &&
        limit.isEmpty && minPage + offset / pageSize <= maxPage + 1) {
      minPage += offset / pageSize
      true
    } else false
  }

  // both SupportsPushDownLimit and SupportsPushDownTopN default this;
  // Scala requires an explicit tiebreak. Both our pushes are partial
  // (the source caps pages, Spark still applies the exact limit/sort).
  override def isPartiallyPushed(): Boolean = true

  /** Aggregate pushdown — the registry API's "total-count endpoint"
    * pattern: a paginated REST source knows its record count and page
    * window from page-1 metadata, so COUNT / MIN(page) / MAX(page) over
    * the (filter-narrowed) window are answered WITHOUT fetching a single
    * page. Complete pushdown only (Spark plans the Aggregate node away
    * entirely); COUNT(col) qualifies because every schema column is
    * non-nullable, and group-bys or any other function fall back to a
    * normal scan. At a 1M-page × 50-record registry this turns a 50M-row
    * ingest-and-count into one metadata row.
    */
  private def translateAgg(agg: org.apache.spark.sql.connector.expressions
      .aggregate.Aggregation): Option[(StructType, String)] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (agg.groupByExpressions().nonEmpty) return None
    def simpleCol(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case f: NamedReference if f.fieldNames().length == 1 =>
        Some(f.fieldNames()(0))
      case _ => None
    }
    val fields = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(("COUNT(*)", LongType: DataType))
      case c: Count if !c.isDistinct && simpleCol(c.column()).isDefined =>
        // every column is nullable = false, so COUNT(col) == COUNT(*)
        Some((s"COUNT(${simpleCol(c.column()).get})", LongType: DataType))
      case m: Min if simpleCol(m.column()).contains("page") =>
        Some(("MIN(page)", IntegerType: DataType))
      case m: Max if simpleCol(m.column()).contains("page") =>
        Some(("MAX(page)", IntegerType: DataType))
      case _ => None
    }
    if (fields.isEmpty || fields.exists(_.isEmpty)) None
    else Some((
      StructType(fields.map(_.get).zipWithIndex.map { case ((n, t), i) =>
        StructField(s"agg_$i", t, nullable = true)
      }),
      fields.map(_.get._1).mkString(", ")))
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = translateAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    translateAgg(agg) match {
      case Some((schema, desc)) =>
        aggSchema = Some(schema); aggDesc = desc; true
      case None => false
    }

  override def build(): Scan = aggSchema match {
    case Some(schema) =>
      new PagedAggScan(minPage, maxPage, pageSize, schema, aggDesc)
    case None =>
      val cappedMax = limit match {
        case Some(l) =>
          val neededPages = (l + pageSize - 1) / pageSize
          math.min(maxPage, minPage + neededPages - 1)
        case None => maxPage
      }
      new PagedScan(minPage, cappedMax, pageSize, pagesPerPartition,
        pagesPerTrigger, required)
  }
}

/** Metadata-only scan for a completely-pushed aggregation: one partition,
  * one row, ZERO [[PageFetcher]] calls (PagedSourceSpec pins the fetch
  * counter across the query).
  */
class PagedAggScan(minPage: Int, maxPage: Int, pageSize: Int,
    aggSchema: StructType, aggDesc: String) extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"PagedAggScan(pages=[$minPage..$maxPage], pageSize=$pageSize, " +
      s"PushedAggregation: [$aggDesc])"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(PagedAggPartition(minPage, maxPage, pageSize,
      aggDesc.split(", ").toSeq))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val a = p.asInstanceOf[PagedAggPartition]
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = { val r = !emitted; emitted = true; r }
          override def get(): InternalRow = {
            val empty = a.maxPage < a.minPage
            val nRows =
              if (empty) 0L
              else (a.maxPage - a.minPage + 1).toLong * a.pageSize
            // field order mirrors the pushed aggregate list
            InternalRow.fromSeq(a.descs.map { desc =>
              if (desc.startsWith("COUNT")) nRows
              else if (empty) null
              else if (desc == "MIN(page)") a.minPage
              else a.maxPage
            })
          }
          override def close(): Unit = ()
        }
      }
    }
}

case class PagedAggPartition(minPage: Int, maxPage: Int, pageSize: Int,
    descs: Seq[String]) extends InputPartition

/** Page batching: one task per page mirrors the reference's page fan-out
  * but at millions of small pages the per-task overhead dominates —
  * `pagesperpartition` groups contiguous pages into one task (the
  * `maxPartitionBytes` analog for a record-count-paged API).
  *
  * [[SupportsRuntimeFiltering]] on `page` is dynamic partition pruning
  * for a REST registry: when this scan sits on the probe side of a
  * broadcast join keyed on `page`, Spark re-plans the fan-out at runtime
  * with the build side's page values — only the JOINED pages are ever
  * fetched. Filters the source can't narrow by are ignored (the join
  * re-applies them; pruning is an optimization, never a correctness
  * gate).
  */
class PagedScan(minPage: Int, maxPage: Int, pageSize: Int, pagesPerPartition: Int,
    pagesPerTrigger: Int = 1, prunedSchema: StructType = PagedSource.schema)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  private var pageSet: Option[Set[Int]] = None

  /** Registry-metadata statistics (SupportsReportStatistics): row count
    * = the filter-narrowed page window × pageSize (the same total-count
    * metadata the aggregate pushdown answers from), bytes at the
    * schema's per-row default width. Without this, a DSv2 relation
    * reports `spark.sql.defaultSizeInBytes` (Long.MaxValue) and a small
    * registry NEVER auto-broadcasts — every paged join would need a
    * hand-placed hint. With it, the planner picks BroadcastHashJoin for
    * small page windows and falls back to shuffle joins past the
    * threshold, exactly like a parquet scan with file statistics.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val rows = pageSet match {
      case Some(set) =>
        set.count(p => p >= minPage && p <= maxPage).toLong * pageSize
      case None => (maxPage - minPage + 1).toLong * pageSize
    }
    val rowBytes = math.max(1L, prunedSchema.defaultSize.toLong)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): util.OptionalLong =
        util.OptionalLong.of(math.max(1L, rows * rowBytes))
      override def numRows(): util.OptionalLong = util.OptionalLong.of(rows)
    }
  }

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("page"))

  override def filter(filters: Array[Filter]): Unit = {
    filters.foreach {
    case org.apache.spark.sql.sources.In("page", vs) =>
      val pages = vs.collect { case i: Integer => i.toInt }
      // translated values can be fewer than vs on odd types; only narrow
      // when every value translated (conservative, never over-prunes)
      if (pages.length == vs.length) pageSet = Some(pages.toSet)
    case EqualTo("page", v: Integer) => pageSet = Some(Set(v.toInt))
    case _ => ()
  } }

  override def readSchema(): StructType = prunedSchema
  override def description(): String =
    s"PagedScan(pages=[$minPage..$maxPage], pageSize=$pageSize, " +
      s"batch=$pagesPerPartition, cols=[${prunedSchema.fieldNames.mkString(",")}])"
  override def toBatch: Batch = this

  /** The single-page partition list when every planned partition holds
    * exactly ONE page value — the precondition for reporting
    * KeyGroupedPartitioning (each partition must map to one partition
    * key). Shared by planInputPartitions and outputPartitioning so the
    * reported numPartitions always matches the plan. */
  private def singlePages: Option[Seq[Int]] = pageSet match {
    case Some(set) =>
      Some(set.toSeq.sorted.filter(p => p >= minPage && p <= maxPage))
    case None if pagesPerPartition == 1 => Some(minPage to maxPage)
    case None => None
  }

  override def planInputPartitions(): Array[InputPartition] =
    singlePages match {
      case Some(pages) =>
        pages.map(p => SinglePagePartition(p, pageSize): InputPartition)
          .toArray
      case None =>
        PagedScan.partitionRange(minPage, maxPage, pageSize, pagesPerPartition)
    }

  /** Storage-partitioned joins (SupportsReportPartitioning): with one
    * page per input partition the scan IS hash-distributed by `page`,
    * and reporting KeyGroupedPartitioning lets two paged scans (or any
    * co-partitioned V2 source) join on page with ZERO exchanges under
    * `spark.sql.sources.v2.bucketing.enabled` — the DSv2 bucketed-join
    * path, the REST analog of a pre-partitioned warehouse table. Multi-
    * page batches fall back to unknown partitioning (a partition with
    * two page values has no single partition key).
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    singlePages match {
      case Some(pages) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions.Expressions
              .identity("page")), pages.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(
            PagedScan.partitionRange(minPage, maxPage, pageSize,
              pagesPerPartition).length)
    }

  /** Reported ordering (SupportsReportOrdering): every partition walks
    * contiguous pages ascending and each page's rows ascending by idx,
    * so rows within a partition are ALWAYS sorted by (page, idx) — the
    * registry's natural listing order. Reporting it lets the planner
    * drop per-partition SortExecs (e.g. the sort under a merge join
    * whose other requirements are already met, or an explicit
    * sortWithinPartitions). Only the prefix of (page, idx) that
    * survives column pruning is reported; idx alone is NOT sorted
    * across a multi-page partition, so it is only reported behind page.
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val names = prunedSchema.fieldNames
    if (!names.contains("page")) Array.empty
    else {
      val cols = if (names.contains("idx")) Seq("page", "idx") else Seq("page")
      cols.map(c => Expressions.sort(Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
        .toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PagedReaderFactory(prunedSchema)

  /** Streaming form: offsets are page numbers; each trigger ingests at most
    * `pagespertrigger` pages — the reference's semaphore/rate cap as a
    * maxOffsetsPerTrigger-style throttle (SURVEY.md §2.9).
    */
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new PagedMicroBatchStream(minPage, maxPage, pageSize, pagesPerTrigger,
      prunedSchema)
}

object PagedScan {
  /** Max input partitions an unbatched scan may plan (explicit
    * `pagesperpartition` overrides). 1024 tasks keep a 1000-executor
    * cluster busy while bounding driver scheduling at O(1k), not
    * O(pages); a REST registry's real ceiling is API throughput, not
    * cores. Deterministic (not parallelism-derived) so plans, specs
    * and bench numbers agree across boxes.
    */
  val MaxFanOut = 1024

  def partitionRange(minPage: Int, maxPage: Int, pageSize: Int,
      pagesPerPartition: Int): Array[InputPartition] =
    (minPage to maxPage by pagesPerPartition).map { p =>
      PagePartition(p, math.min(p + pagesPerPartition - 1, maxPage), pageSize): InputPartition
    }.toArray
}

/** Offset = next page to fetch; [start, end) pages per micro-batch. */
case class PageOffset(page: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"page":$page}"""
}

class PagedMicroBatchStream(minPage: Int, maxPage: Int, pageSize: Int,
    pagesPerTrigger: Int, prunedSchema: StructType = PagedSource.schema)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  // Rate cap via admission control: the engine hands us the current start
  // offset plus a ReadLimit every trigger. Normal triggers get our default
  // maxRows limit (pagesPerTrigger pages); Trigger.Once/AvailableNow pass
  // allAvailable and must ingest EVERYTHING (the maxFilesPerTrigger
  // convention) — ignoring the limit there would silently truncate.
  override def initialOffset(): Offset = PageOffset(minPage)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[PageOffset].page
    limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        val pages = math.max(1, (r.maxRows() / pageSize).toInt)
        PageOffset(math.min(s + pages, maxPage + 1))
      case _ => PageOffset(maxPage + 1)   // allAvailable et al.
    }
  }
  override def reportLatestOffset(): Offset = PageOffset(maxPage + 1)
  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(pagesPerTrigger.toLong * pageSize)
  override def deserializeOffset(json: String): Offset =
    PageOffset("""\d+""".r.findFirstIn(json).get.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PageOffset].page
    val e = end.asInstanceOf[PageOffset].page - 1
    if (e < s) Array.empty else PagedScan.partitionRange(s, e, pageSize, 1)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new PagedReaderFactory(prunedSchema)
}

case class PagePartition(firstPage: Int, lastPage: Int, pageSize: Int) extends InputPartition

/** One page per partition, with the page value exposed as the partition
  * key (HasPartitionKey) — what lets the scan report
  * KeyGroupedPartitioning for storage-partitioned joins. */
case class SinglePagePartition(page: Int, pageSize: Int)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(page)
}

class PagedReaderFactory(schema: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    partition match {
      case s: SinglePagePartition =>
        new PagedReader(s.page, s.page, s.pageSize, schema)
      case p: PagePartition =>
        new PagedReader(p.firstPage, p.lastPage, p.pageSize, schema)
    }
  }
}

/** Deterministic stand-in for the HTTP page fetch, retry loop included
  * (fast_tuoyu_scraper.py:41-58: 3 attempts, linear backoff).
  *
  * Record `i` of page `p` has id `p * pageSize + i` (Int arithmetic) and
  * four payload fields, produced straight as UTF-8 bytes (FIXTURES.md §1):
  *
  *  - `name` = `托育机构_` + the id in decimal;
  *  - `credit_code` = `91` + the id zero-padded to 16 digits;
  *  - `institution_type` = `营利性` when `id % 3 == 0`, else `非营利性`;
  *  - `region_code` = `140000 + id % 1000` zero-padded to 6 digits, then
  *    `000000`.
  *
  * A negative id (an overflowed `p * pageSize`) is written the way
  * `java.util.Formatter` writes it: the sign, then the zero padding.
  * Literal parts are encoded once; digits are written in place, so a page
  * costs one byte buffer and one offset array.
  */
object PageFetcher {
  val MaxRetries = 3

  /** Pages actually fetched in this JVM — the aggregate-pushdown receipt's
    * "zero pages read" pin (local mode: executor threads share the JVM).
    */
  val fetchCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Payload fields per record: `name`, `credit_code`,
    * `institution_type`, `region_code`, in [[PagedSource.schema]] order.
    */
  private val FieldsPerRecord = 4

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val NamePrefix = utf8("托育机构_")
  private val CreditPrefix = utf8("91")
  private val RegionSuffix = utf8("000000")
  private val ForProfit = utf8("营利性")
  private val NonProfit = utf8("非营利性")
  // longest record: prefix + "-2147483648" for the name, "91" + the same
  // 11 bytes (padding to 16 takes fewer) for the code, the longer type,
  // six digits + suffix for the region
  private val MaxRecordBytes = NamePrefix.length + 11 + CreditPrefix.length + 16 +
    math.max(ForProfit.length, NonProfit.length) + 6 + RegionSuffix.length

  /** One fetched page of `size` records: payload field `f` of record `i`
    * is the UTF-8 bytes `bytes[bounds(k), bounds(k + 1))`, `k = 4i + f`.
    */
  final class Page(val size: Int, bytes: Array[Byte], bounds: Array[Int]) {
    /** The field as a UTF8String over the page's buffer (no copy). */
    def field(i: Int, f: Int): UTF8String = {
      val k = i * FieldsPerRecord + f
      UTF8String.fromBytes(bytes, bounds(k), bounds(k + 1) - bounds(k))
    }
  }

  def fetch(page: Int, pageSize: Int): Page = {
    fetchCount.incrementAndGet(): Unit
    var attempt = 0
    while (true) {
      try {
        return render(page, pageSize)
      } catch {
        case e: Exception =>
          attempt += 1
          if (attempt >= MaxRetries) throw e
          Thread.sleep(500L * attempt)   // 0.5·n backoff, reference policy
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def render(page: Int, pageSize: Int): Page = {
    val bytes = new Array[Byte](Math.multiplyExact(pageSize, MaxRecordBytes))
    val bounds = new Array[Int](pageSize * FieldsPerRecord + 1)
    var pos = 0
    var k = 1
    var i = 0
    while (i < pageSize) {
      val id = page * pageSize + i
      pos = put(bytes, pos, NamePrefix)
      pos = putDecimal(bytes, pos, id, 0)
      bounds(k) = pos; k += 1
      pos = put(bytes, pos, CreditPrefix)
      pos = putDecimal(bytes, pos, id, 16)
      bounds(k) = pos; k += 1
      pos = put(bytes, pos, if (id % 3 == 0) ForProfit else NonProfit)
      bounds(k) = pos; k += 1
      pos = putDecimal(bytes, pos, 140000 + id % 1000, 6)
      pos = put(bytes, pos, RegionSuffix)
      bounds(k) = pos; k += 1
      i += 1
    }
    new Page(pageSize, bytes, bounds)
  }

  private def put(buf: Array[Byte], at: Int, src: Array[Byte]): Int = {
    System.arraycopy(src, 0, buf, at, src.length)
    at + src.length
  }

  /** `v` in decimal at `at`, zero-padded to `width` bytes with the sign
    * counted in the width (`%0<width>d`); returns the end position.
    */
  private def putDecimal(buf: Array[Byte], at: Int, v: Int, width: Int): Int = {
    var pos = at
    if (v < 0) { buf(pos) = '-'; pos += 1 }
    var m = math.abs(v.toLong)
    var digits = 1
    var t = m / 10
    while (t != 0) { digits += 1; t /= 10 }
    val end = math.max(pos + digits, at + width)
    var j = end
    while (j > end - digits) { j -= 1; buf(j) = ('0' + m % 10).toByte; m /= 10 }
    while (j > pos) { j -= 1; buf(j) = '0' }
    end
  }
}

/** Projection-aware page reader. The pruned schema decides what the
  * transport owes us:
  *
  *  - any payload column required → one [[PageFetcher.fetch]] per page;
  *  - keys-only (`page`/`idx`) or EMPTY projection → ZERO fetches: the
  *    row count per page and the (page, idx) keys are registry metadata
  *    (the same total-count metadata the aggregate pushdown answers
  *    from), so COUNT-shaped plans — where the optimizer prunes every
  *    column before aggregate pushdown can fire — never touch the
  *    transport at all.
  *
  * The schema is resolved to source-field ordinals once per reader. Every
  * row is filled into one reused row by ordinal: `page` and `idx` as
  * ints, payload fields as UTF8Strings over the fetched page's bytes (no
  * String, no re-encode). The scan projects each row to an UnsafeRow
  * before `next()` is called again.
  */
class PagedReader(firstPage: Int, lastPage: Int, pageSize: Int,
    schema: StructType) extends PartitionReader[InternalRow] {
  import PagedReader.{IdxField, PageField}
  // source-field ordinal of each output column: page, idx, then the
  // payload fields in PageFetcher order
  private val sources: Array[Int] = schema.fieldNames.map(PagedSource.schema.fieldIndex)
  private val needsFetch = sources.exists(_ > IdxField)
  private val row: InternalRow =
    if (sources.isEmpty) InternalRow.empty else new SpecificInternalRow(schema)

  private var page = firstPage
  private var i = -1
  private var done = firstPage > lastPage || pageSize <= 0
  private var fetched: PageFetcher.Page = _

  override def next(): Boolean = {
    if (done) return false
    i += 1
    if (i == pageSize) {
      if (page == lastPage) { done = true; return false }
      i = 0; page += 1
    }
    if (i == 0 && needsFetch) fetched = PageFetcher.fetch(page, pageSize)
    var j = 0
    while (j < sources.length) {
      sources(j) match {
        case PageField => row.setInt(j, page)
        case IdxField => row.setInt(j, i)
        case f => row.update(j, fetched.field(i, f - IdxField - 1))
      }
      j += 1
    }
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}

object PagedReader {
  private final val PageField = 0
  private final val IdxField = 1
}
