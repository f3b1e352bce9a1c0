package graft.sources

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Paged match-ID client abstraction (reference: zwilson999/lol_data_pipeline
  * `matches.py:21-53` — GET `…/ids?queue=&start=&count=` pages of opaque IDs).
  * Implementations must be cheap to construct from options on executors;
  * the default [[FakeMatchIdClient]] is a deterministic in-memory stand-in
  * (zero-egress container) — an HTTP client drops in without touching the
  * planner below.
  */
trait MatchIdClient {
  def queues: Seq[Int]
  /** One page of IDs for a queue; fewer than `count` ⇔ last page. */
  def fetchPage(queue: Int, start: Int, count: Int): Seq[String]
}

/** Deterministic fake: `idsPerQueue` IDs per queue named like real match
  * IDs. Counts fetches (static, test-observable) so pushdown effects are
  * measurable, mirroring the reference's request accounting.
  */
class FakeMatchIdClient(val queues: Seq[Int], idsPerQueue: Int) extends MatchIdClient {
  def fetchPage(queue: Int, start: Int, count: Int): Seq[String] = {
    FakeMatchIdClient.fetches.incrementAndGet()
    val end = math.min(start + count, idsPerQueue)
    (start until end).map(i => f"NA1_$queue%03d_$i%07d")
  }
}
object FakeMatchIdClient {
  val fetches = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** DataSourceV2 batch source for the paginated match-ID scan, with the
  * two pushdowns the reference hand-implements in its request layer
  * (SURVEY.md §2.1 S2, §4):
  *
  *  - `SupportsPushDownFilters`: `queue = v` / `queue IN (…)` predicates
  *    become the set of queues scanned — the `?queue=` query param.
  *  - `SupportsPushDownLimit`: a LIMIT caps the pages planned per queue
  *    (`?count=` + page cap). Partial push (`pushLimit` returns false):
  *    Spark still applies the exact global limit on top.
  *
  * The (queue, page) requests are packed into at most
  * `spark.sql.leafNodeDefaultParallelism` contiguous, balanced
  * InputPartitions (`SparkContext.defaultParallelism` when unset) — the
  * rule Spark applies to its own leaf scans (`range`, local relations).
  * Each partition makes one client and fetches its pages in order, the
  * next page only when the reader needs its rows, so a pushed LIMIT still
  * stops early. Retries/pacing are delegated to the client implementation.
  *
  * Usage: `spark.read.format("graft.sources.MatchIdsSource")
  *   .option("queues", "400,430,450").option("idsPerQueue", 1000).load()`
  */
class MatchIdsSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MatchIdsSource.schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new MatchIdsTable(new CaseInsensitiveStringMap(properties))
}

object MatchIdsSource {
  val schema: StructType = StructType(Seq(
    StructField("queue", IntegerType, nullable = false),
    StructField("match_id", StringType, nullable = false)))

  private[sources] case class ClientConf(
      queues: Seq[Int], idsPerQueue: Int, baseUrl: Option[String] = None) {
    /** Runs executor-side per partition — a `baseUrl` option routes the
      * scan through [[HttpMatchIdClient]] (real sockets, pushdown params
      * in the query string); unset keeps the deterministic fake.
      */
    def make(): MatchIdClient = baseUrl match {
      case Some(u) => new HttpMatchIdClient(queues, u)
      case None => new FakeMatchIdClient(queues, idsPerQueue)
    }
  }

  private[sources] def conf(options: CaseInsensitiveStringMap): ClientConf = ClientConf(
    options.getOrDefault("queues", "400,430,450").split(",").map(_.trim.toInt).toSeq,
    options.getInt("idsPerQueue", 1000),
    Option(options.get("baseUrl")))
}

class MatchIdsTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = "match_ids"
  override def schema(): StructType = MatchIdsSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val pageSize = opts.getInt("pageSize", 100)
    val maxPerQueue = opts.getInt("maxPerQueue", 1000)
    require(pageSize > 0, s"option pageSize must be > 0, got $pageSize")
    require(maxPerQueue >= 0, s"option maxPerQueue must be >= 0, got $maxPerQueue")
    new MatchIdsScanBuilder(MatchIdsSource.conf(options), pageSize, maxPerQueue)
  }
}

class MatchIdsScanBuilder(conf: MatchIdsSource.ClientConf, pageSize: Int, maxPerQueue: Int)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownLimit {

  private var queueSubset: Option[Set[Int]] = None
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, rest) = filters.partition {
      case EqualTo("queue", _: Int) | EqualTo("queue", _: Integer) => true
      case In("queue", _) => true
      case _ => false
    }
    queueSubset = supported.foldLeft(queueSubset) { (acc, f) =>
      val s = f match {
        case EqualTo(_, v) => Set(v.asInstanceOf[Number].intValue())
        case In(_, vs) => vs.map(_.asInstanceOf[Number].intValue()).toSet
        case _ => Set.empty[Int]
      }
      Some(acc.fold(s)(_ intersect s))
    }
    pushed = supported
    rest // unsupported predicates stay in the Spark plan
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Partial push: cap pages planned; Spark re-applies the exact limit. */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); false }

  override def build(): Scan = {
    val queues = queueSubset.fold(conf.queues)(s => conf.queues.filter(s))
    val perQueueCap = math.min(maxPerQueue, limit.getOrElse(maxPerQueue))
    new MatchIdsScan(conf, queues, pageSize, perQueueCap, pushed)
  }
}

/** One `?queue=&start=&count=` page request. */
case class MatchIdsPage(queue: Int, start: Int, count: Int)

/** A contiguous run of page requests, read in order by one task. */
case class MatchIdsPartition(pages: Seq[MatchIdsPage]) extends InputPartition

class MatchIdsScan(
    conf: MatchIdsSource.ClientConf, queues: Seq[Int],
    pageSize: Int, perQueueCap: Int, pushed: Array[Filter])
    extends Scan with Batch {

  override def readSchema(): StructType = MatchIdsSource.schema
  override def toBatch: Batch = this
  override def description(): String =
    s"MatchIdsScan queues=${queues.mkString(",")} cap=$perQueueCap " +
      s"PushedFilters: [${pushed.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val starts = 0 until perQueueCap by pageSize
    val pages = queues.flatMap(q => starts.map(start =>
      MatchIdsPage(q, start, math.min(pageSize, perQueueCap - start)))).toIndexedSeq
    val spark = SparkSession.active
    val slots = spark.conf.getOption("spark.sql.leafNodeDefaultParallelism")
      .map(_.toInt).getOrElse(spark.sparkContext.defaultParallelism)
    val n = math.min(pages.size, slots)
    // split i takes pages [i*P/n, (i+1)*P/n): sizes differ by at most one
    (0 until n).map(i => MatchIdsPartition(
      pages.slice((i.toLong * pages.size / n).toInt, ((i + 1L) * pages.size / n).toInt))).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val c = conf // avoid serializing the Scan
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[MatchIdsPartition]
      new PartitionReader[InternalRow] {
        private val client = c.make()
        // flatMap fetches the next page only once the current one is drained
        private val rows = p.pages.iterator.flatMap(pg =>
          client.fetchPage(pg.queue, pg.start, pg.count).iterator
            .map(id => InternalRow(pg.queue, UTF8String.fromString(id))))
        private var current: InternalRow = _
        override def next(): Boolean = { val h = rows.hasNext; if (h) current = rows.next(); h }
        override def get(): InternalRow = current
        override def close(): Unit = ()
      }
    }
  }
}
