package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 source with the reference's paginated-feed shape
  * (SURVEY.md §2.1 S1/S5/S8/S9: TMDB discover pages; reference:
  * app/tmdb_client.py:293-382, app/sync_top.py:32-121).
  *
  * Two transports behind one source ([[PageFetch]]):
  *  - offline: `path=` names a directory of JSON-lines files
  *    `page-<n>.json`, one file per page — exactly the unit the
  *    reference fetches per HTTP round-trip;
  *  - live: `url=` names a GET template with a `{page}` placeholder
  *    (e.g. `https://host/3/movie/top_rated?page={page}`); requires
  *    `maxPages` (the scan's bound). Non-2xx statuses are TERMINAL
  *    (never retried), network errors back off linearly — the ST4
  *    envelope, identical in both modes. A page that gives up yields
  *    the EMPTY page and the scan keeps going (the reference loop
  *    `break`s the whole sync there — this source is strictly more
  *    available); the give-up is OBSERVABLE, not just stderr (review
  *    finding): classified give-up counts (network/http/other — the
  *    reference's skipped_* taxonomy) surface as DSv2 custom SCAN
  *    metrics in the Spark UI / SQL metrics, and row-level poison
  *    (null ids) dead-letters downstream via SyncJob's ST3 sink.
  *    Partition planning, schema, and pushdown are shared.
  *
  * Scale design:
  *  - one InputPartition per page -> a 500-page year sync fans out as
  *    500 parallel tasks instead of the reference's sequential loop;
  *  - `SupportsPushDownLimit`: LIMIT n plans only ceil(n/pageSize)
  *    pages — the reference's `saved >= limit` early-exit, moved into
  *    the scan;
  *  - options `startPage`/`maxPages` give the resumable-cursor window
  *    (ST1) source-side.
  *
  * Usage:
  * {{{
  *   spark.read.format("tmdb-pages")
  *     .option("path", dir).option("startPage", 3).load()
  * }}}
  */
class PagedSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "tmdb-pages"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PagedSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new PagedTable(properties.asScala.toMap)
}

object PagedSource {
  /** The discover-item projection the reference consumes (dynamic TMDB
    * payloads reduced to the fields the pipeline uses) + page provenance. */
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("title", StringType),
    StructField("vote_count", LongType),
    StructField("popularity", DoubleType),
    StructField("_page", IntegerType)))

  def pageFiles(dir: String): Seq[(Int, String)] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty).toSeq
      .flatMap { f =>
        f.getName match {
          case s if s.startsWith("page-") && s.endsWith(".json") =>
            // toIntOption, not toInt: a stray file whose infix is not a
            // page number ("page-3 (copy).json", an editor backup, an
            // overflowing number) must be IGNORED like any other
            // non-matching name — .toInt threw from planInputPartitions
            // (and every streaming latestOffset), failing the job
            // against the module's bad-page contract (review finding)
            s.stripPrefix("page-").stripSuffix(".json").toIntOption
              .map(_ -> f.getAbsolutePath)
          case _ => None
        }
      }.sortBy(_._1)
  }

  /** ST3-visible give-up accounting (header comment): per-task counts
    * by the reference's skipped_* taxonomy, summed across tasks by the
    * engine and rendered in the scan node's SQL metrics. */
  val GiveUpKinds: Seq[String] = Seq("network", "http", "other")
  sealed abstract class GiveUpMetric(kind: String) extends CustomSumMetric {
    override def name(): String = s"giveUpPages_$kind"
    override def description(): String = s"pages given up ($kind errors)"
  }
  // One public zero-arg class per kind: the SQL status listener
  // re-creates each driver-side metric from its class name alone to sum
  // the task values, and skips a metric it cannot construct.
  final class GiveUpNetworkMetric extends GiveUpMetric("network")
  final class GiveUpHttpMetric extends GiveUpMetric("http")
  final class GiveUpOtherMetric extends GiveUpMetric("other")
  def giveUpMetrics(): Array[CustomMetric] =
    Array(new GiveUpNetworkMetric, new GiveUpHttpMetric, new GiveUpOtherMetric)
  final case class GiveUpTaskMetric(kind: String, v: Long) extends CustomTaskMetric {
    override def name(): String = s"giveUpPages_$kind"
    override def value(): Long = v
  }

  /** The one reader factory both faces (batch scan, micro-batch stream)
    * share: the transports and the ST4 envelope are identical. */
  def readerFactory(options: Map[String, String]): PartitionReaderFactory = {
    val maxAttempts = options.getOrElse("maxAttempts", "5").toInt
    val backoffMillis = options.getOrElse("backoffMillis", "1000").toLong
    val requestTimeoutMillis = options.getOrElse("requestTimeoutMillis", "30000").toLong
    // default false = reference parity (tmdb_client.py treats 429 as any
    // other status error: terminal); true opts into server-paced retries
    val honorRetryAfter = options.getOrElse("honorRetryAfter", "false").toBoolean
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PageReader(p.asInstanceOf[PageInputPartition], maxAttempts,
          backoffMillis, requestTimeoutMillis, honorRetryAfter)
    }
  }
}

class PagedTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"tmdb_pages(${options.getOrElse("path", "?")})"
  override def schema(): StructType = PagedSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    new PagedScanBuilder(options)
}

class PagedScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownLimit {
  private var limit: Option[Int] = None
  /** LIMIT caps the planned pages; rows still flow through Spark's own
    * GlobalLimit for exactness (pushdown is an upper-bound prune).
    *
    * THE PRUNE'S CONTRACT (review finding, adjudicated): planning
    * ceil(n/pageSize) pages assumes every non-LAST page carries exactly
    * pageSize rows — the discover-feed contract this source models
    * (TMDB pages are fixed-size except the final one; a short last
    * page means no further data exists, so nothing was pruned away).
    * Outside that contract a mid-stream short page under-delivers the
    * LIMIT (pruned pages cannot top it up) — note the REFERENCE is no
    * better there: its loop `break`s outright on a failed or empty
    * page, delivering even less. A page dir that does not honor the
    * contract (hand-written files, variable page sizes) should set
    * limitPushdown=false to plan the full window and let GlobalLimit
    * do all the limiting. */
  override def pushLimit(n: Int): Boolean = {
    if (options.getOrElse("limitPushdown", "true").toBoolean) limit = Some(n)
    false
  }
  override def build(): Scan = new PagedScan(options, limit)
}

case class PageInputPartition(page: Int, path: String) extends InputPartition

class PagedScan(options: Map[String, String], limit: Option[Int])
    extends Scan with Batch {
  private val pageSize = options.getOrElse("pageSize", "20").toInt
  override def readSchema(): StructType = PagedSource.Schema
  override def toBatch: Batch = this
  override def description(): String = {
    val lim = limit.map(n => s", limitPages=${pagesFor(n)}").getOrElse("")
    s"tmdb-pages path=${options.getOrElse("path", "?")}$lim"
  }
  private def pagesFor(n: Int): Int = (n + pageSize - 1) / pageSize

  override def planInputPartitions(): Array[InputPartition] = {
    val start = options.getOrElse("startPage", "1").toInt
    val maxPages = options.getOrElse("maxPages", Int.MaxValue.toString).toInt
    val all = options.get("url") match {
      case Some(template) =>
        // Live mode: the page window must be explicit — there is no
        // directory to list, and an unbounded live scan is a bug, not a
        // default. `{page}` in the template is replaced per partition.
        require(maxPages != Int.MaxValue,
          "live (url=) mode requires maxPages: the page window is the scan's bound")
        require(template.contains("{page}"),
          s"url template must contain the {page} placeholder: $template")
        // long arithmetic (start + maxPages overflows Int), and the
        // limit cap applied BEFORE materializing page descriptors — a
        // huge window with a small LIMIT must not build a huge Seq on
        // the driver
        val endExcl = math.min(start.toLong + maxPages.toLong, Int.MaxValue.toLong)
        val nPlanned = math.min(endExcl - start,
          limit.map(n => pagesFor(n).toLong).getOrElse(Long.MaxValue))
        (0L until nPlanned)
          .map(i => (start + i).toInt)
          .map(p => p -> template.replace("{page}", p.toString))
      case None =>
        // long arithmetic: start + maxPages overflows Int at the default cap
        PagedSource.pageFiles(options("path"))
          .filter { case (p, _) => p >= start && p.toLong < start.toLong + maxPages.toLong }
    }
    val capped = limit.map(n => all.take(pagesFor(n))).getOrElse(all)
    capped.map { case (p, f) => PageInputPartition(p, f): InputPartition }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    PagedSource.readerFactory(options)

  override def supportedCustomMetrics(): Array[CustomMetric] =
    PagedSource.giveUpMetrics()

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new PagedMicroBatchStream(options)
}

/** Reads one page — a fixture file (JSON lines) or a live HTTP GET,
  * dispatched on the partition path's scheme — through the ST4 retry
  * envelope: a transiently-failing page backs off linearly inside ITS
  * OWN task and, on exhaustion (or a terminal HTTP status error), it
  * degrades to the empty page — the reference's `{}` — so one poisoned
  * page never fails the job (ST3). The transports share partition
  * planning, schema, pushdown, and this envelope ([[PageFetch]]). */
class PageReader(part: PageInputPartition, maxAttempts: Int = 5,
                 backoffMillis: Long = 1000L,
                 requestTimeoutMillis: Long = 30000L,
                 honorRetryAfter: Boolean = false)
    extends PartitionReader[InternalRow] {
  import com.fasterxml.jackson.databind.JsonNode
  private val giveUps =
    scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val it: Iterator[JsonNode] =
    Retry.withRetry(maxAttempts, backoffMillis,
        onGiveUp = g => {
          giveUps(g.kind) += 1 // -> custom scan metric (PagedSource doc)
          System.err.println(s"[tmdb-pages] give-up: $g")
        })(Seq.empty[JsonNode]) {
      Retry.Faults.maybeThrow(part.path) // test-only fault injection
      if (PageFetch.isLive(part.path))
        PageFetch.http(part.path, requestTimeoutMillis, honorRetryAfter)
      else PageFetch.file(part.path)
    }.iterator
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    PagedSource.GiveUpKinds
      .map(k => PagedSource.GiveUpTaskMetric(k, giveUps(k)): CustomTaskMetric)
      .toArray
  private var current: InternalRow = _

  override def next(): Boolean =
    if (!it.hasNext) false
    else {
      val node = it.next()
      current = InternalRow(
        if (node.hasNonNull("id")) node.get("id").asLong() else null,
        if (node.hasNonNull("title")) UTF8String.fromString(node.get("title").asText()) else null,
        if (node.hasNonNull("vote_count")) node.get("vote_count").asLong() else null,
        if (node.hasNonNull("popularity")) node.get("popularity").asDouble() else null,
        part.page)
      true
    }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
