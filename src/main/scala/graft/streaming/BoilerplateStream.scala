package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Incremental boilerplate-line detection — the STREAMING maintenance of
  * [[graft.llm.WebCuration.bannedLines]]'s batch ban list.
  *
  * A crawl pipeline ingests documents continuously; the line-dedup pass
  * (C4-style: drop lines occurring in ≥ minDocs distinct documents) needs
  * the ban list kept CURRENT without re-aggregating the corpus each day.
  * This operator maintains a per-line distinct-document counter in
  * streaming state and emits each line EXACTLY ONCE, at the moment its
  * count crosses the threshold — an append-only feed of newly-discovered
  * boilerplate that downstream rewrites subscribe to.
  *
  * Semantics and scale:
  *   - Lines are de-duplicated WITHIN each document before counting
  *     (`array_distinct`), so every arriving (doc, line) row is one
  *     distinct-document observation; the source's exactly-once contract
  *     (checkpointed file source) makes the counter exact, no set of seen
  *     doc ids is stored — state is O(1) per distinct line (count +
  *     emitted flag), the same reason the batch groupBy partial-aggregates.
  *   - `flatMapGroupsWithState` in Append mode emits the transition row
  *     only; the emitted flag survives restarts (checkpointed state), so
  *     a replayed batch cannot re-emit — exactly-once end to end.
  *   - At 100 TB the state is bounded by DISTINCT lines, which is why
  *     real deployments hash lines; here the raw line is the key so the
  *     spec can compare against the batch definition verbatim, and the
  *     key could be swapped for xxhash64(line) without touching the fold.
  *
  * BoilerplateStreamSpec proves stream ≡ batch: after draining waves
  * (with a restart per wave), the emitted set equals
  * [[graft.llm.WebCuration.bannedLines]] over the full corpus, each line
  * exactly once, and a (minDocs−1)-document line is never emitted.
  */
object BoilerplateStream {

  /** Landing schema: pre-split documents, one (doc_id, aug) row each. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("aug", StringType)))

  final case class LineObs(line: String, doc_id: Long)
  final case class LineState(count: Long, emitted: Boolean)
  final case class BannedLine(line: String, n_docs: Long)

  /** Streaming transform: (doc_id, aug) → newly-banned lines. */
  def newlyBanned(docs: DataFrame, minDocs: Int): Dataset[BannedLine] = {
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    implicit val obsEnc   = Encoders.product[LineObs]
    implicit val stateEnc = Encoders.product[LineState]
    implicit val outEnc   = Encoders.product[BannedLine]
    implicit val keyEnc   = Encoders.STRING
    docs
      .select(col("doc_id"),
        explode(array_distinct(split(col("aug"), "\n"))).as("line"))
      .select(col("line"), col("doc_id")).as[LineObs]
      .groupByKey(_.line)
      .flatMapGroupsWithState[LineState, BannedLine](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (line: String, rows: Iterator[LineObs], state: GroupState[LineState]) =>
          val prev = state.getOption.getOrElse(LineState(0L, emitted = false))
          // Each row is one distinct document observing this line (the
          // per-document array_distinct + the source's exactly-once
          // delivery), so the increment is the iterator length.
          val count = prev.count + rows.size
          val crossed = !prev.emitted && count >= minDocs
          state.update(LineState(count, prev.emitted || crossed))
          if (crossed) Iterator.single(BannedLine(line, count))
          else Iterator.empty
      }
  }

  /** Drain everything currently in `landingDir`, appending newly-banned
    * lines to `outDir`; restarts resume from the checkpoint. */
  def runAvailableNow(spark: SparkSession, landingDir: String,
      outDir: String, checkpointDir: String, minDocs: Int,
      maxFilesPerTrigger: Int = 10): Unit =
    Drain(spark, Seq(landingDir))(s => Seq(Drain.toParquet(newlyBanned(
      Drain.files(s, docSchema, landingDir, maxFilesPerTrigger), minDocs), outDir, checkpointDir)))

  /** The accumulated ban list (commit-log-protected read of the sink).
    * Read with an explicit schema: before the stream's first emission the
    * sink dir holds only `_spark_metadata`, and a schema-inferring read
    * would throw ("unable to infer schema") at a consumer polling early —
    * an empty ban list is the correct answer there, not a crash. */
  def bannedSet(spark: SparkSession, outDir: String): DataFrame = {
    val sinkSchema = StructType(Seq(
      StructField("line", StringType),
      StructField("n_docs", LongType)))
    spark.read.schema(sinkSchema).parquet(outDir).select("line", "n_docs")
  }
}
