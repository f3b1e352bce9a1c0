package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Robust text-format ingestion: the front door of a training-data
  * pipeline is billions of JSONL lines from crawls and dumps, and some
  * fraction of them is ALWAYS malformed (truncated flushes, encoding
  * damage, producer bugs) or schema-drifted (fields added by a newer
  * producer). The 100 TB contract is: never fail the job on a bad line,
  * never silently drop it either — parse permissively, quarantine the
  * raw bytes of every unparseable line next to the clean rows, and
  * tolerate unknown fields. Spark's JSON reader does all three natively
  * when driven with an explicit schema + `columnNameOfCorruptRecord`
  * (PERMISSIVE mode), which keeps the whole parse inside the codegen'd
  * scan — no UDF, no second pass over the data, and the quarantine
  * split is a plain filter on the corrupt column.
  *
  * The demo corpus is DERIVED from `documents.parquet` (write-once per
  * dir contents, a [[ContentTag]] layout): every `doc_id % 37 == 0` line is
  * truncated to its first 10 bytes (never valid JSON — the prefix is
  * always an unclosed `{"doc_id":`), and every surviving
  * `doc_id % 11 == 0` line gains an unknown `"_extra"` object (the
  * schema-drift case an explicit schema must IGNORE, not quarantine).
  * Both rules are pure functions of `doc_id`, so a SQL oracle over the
  * original parquet re-derives exactly which rows parse, which
  * quarantine, and what the clean rows contain.
  */
object IngestOps {

  /** Every doc_id divisible by this is emitted as a truncated (invalid)
    * JSON line — the quarantine population.
    */
  val CorruptEvery = 37L

  /** Every surviving doc_id divisible by this gains an unknown extra
    * field — the schema-drift population (must still parse clean).
    */
  val DriftEvery = 11L

  /** Read schema for the JSONL corpus: the four document fields plus the
    * corrupt-record capture column (must be a nullable StringType and
    * must be named in `columnNameOfCorruptRecord`).
    */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("text", StringType),
    StructField("_corrupt_record", StringType)))

  /** Idempotently materialize the JSONL corpus for `dir`'s current
    * contents; returns its path. One text line per document: corrupt
    * rule first (trumps drift on the 407-multiples), then drift, then
    * the clean `to_json` of the four fields. `to_json` escapes embedded
    * newlines, so every document is exactly one line.
    */
  def ensureJsonl(s: SparkSession, dir: String): String =
    ContentTag.buildOnce("graft_jsonl", ContentTag.of(dir, Seq("documents"))) { path =>
      val j = to_json(struct(col("doc_id"), col("lang"), col("source"), col("text")))
      val line = when(col("doc_id") % CorruptEvery === 0, j.substr(lit(1), lit(10)))
        .when(col("doc_id") % DriftEvery === 0,
          concat(j.substr(lit(1), length(j) - 1), lit(""", "_extra":{"producer":"v2"}}""")))
        .otherwise(j)
      Tables(s, dir, "documents").select(line.as("value"))
        .write.mode("overwrite").text(path)
    }

  /** Permissive JSONL read with quarantine capture: clean lines parse
    * into the typed columns, malformed lines surface as all-null typed
    * columns plus the raw line in `_corrupt_record`, unknown fields are
    * ignored. The parse happens inside the scan (one pass, codegen); a
    * caller splits clean/quarantine with a filter on the corrupt column.
    *
    * Spark constraint (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
    * COLUMN): a query over the raw files whose column pruning leaves
    * ONLY `_corrupt_record` referenced is rejected — e.g.
    * `filter(corrupt.isNotNull).count()`. Downstream must reference at
    * least one typed column (any real split/aggregate does), or
    * materialize the parse first — which is what a production quarantine
    * write does anyway.
    */
  def readJsonlQuarantine(s: SparkSession, path: String): DataFrame =
    s.read.schema(docSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** SQL table-valued surface, registered as `graft_ingest` (same
    * injection path as `graft_asof` — see
    * [[graft.plans.NativeAsOfJoin.sqlBuilder]]):
    *
    * {{{
    * SELECT * FROM graft_ingest('/landing/dir')                -- all rows
    * SELECT * FROM graft_ingest('/landing/dir', 'clean')       -- parsed only
    * SELECT * FROM graft_ingest('/landing/dir', 'quarantine')  -- corrupt only
    * }}}
    *
    * 'clean' drops the corrupt column (the downstream-table shape);
    * 'quarantine' keeps the FULL row — the typed columns are all null
    * there, but dropping them would leave the scan referencing only the
    * corrupt column, which the JSON reader rejects (see
    * [[readJsonlQuarantine]]); callers project the raw line off the
    * result instead.
    */
  def sqlBuilder(
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    def arg(i: Int, what: String): String =
      graft.plans.TvfArgs.strLit("graft_ingest", es)(i, what)
    if (es.isEmpty || es.size > 2)
      throw new IllegalArgumentException(
        "graft_ingest(path[, 'all'|'clean'|'quarantine'])")
    val df = readJsonlQuarantine(
      org.apache.spark.sql.SparkSession.active, arg(0, "path"))
    val out = (if (es.size > 1) arg(1, "mode") else "all") match {
      case "" | "all" => df
      case "clean" =>
        df.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
      case "quarantine" => df.filter(col("_corrupt_record").isNotNull)
      case m => throw new IllegalArgumentException(
        s"graft_ingest: mode must be all|clean|quarantine, got '$m'")
    }
    out.queryExecution.analyzed
  }

  /** The streaming twin — the continuous-ingestion front door (a crawler
    * keeps dropping JSONL files into a landing dir; the pipeline tails
    * it): same schema, same permissive parse, same quarantine contract,
    * as a file-source stream. `maxFilesPerTrigger` is the
    * ingest-rate-limiting knob a landing-dir tail needs in production.
    */
  def readJsonlQuarantineStream(
      s: SparkSession, path: String, maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = s.readStream.schema(docSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
    (if (maxFilesPerTrigger > 0)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
    else r).json(path)
  }
}
