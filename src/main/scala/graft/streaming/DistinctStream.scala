package graft.streaming

import graft.functions.Hll

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Incremental distinct-count maintenance — the STREAMING form of the
  * portable HyperLogLog (`rel_hll_distinct` / [[Hll]]): a per-(group,
  * register) MAX-rank kept in streaming state, emitted append-only each
  * time a register RISES. "Distinct users so far" is then one fold over
  * the sink's register table — no re-scan of the ingested corpus, ever.
  *
  * Semantics and scale:
  *   - State is O(groups × 4096) regardless of input volume — the whole
  *     point of the sketch; the per-key state is ONE int (the max rank).
  *   - Register ranks are monotone non-decreasing, so emitting only on a
  *     rise makes the sink's per-key MAX equal to the live state at any
  *     moment, and the full drain's register table must equal the BATCH
  *     register table over the same corpus exactly (the differential
  *     check `rel_hll_stream` runs cross-engine, and
  *     [[graft] DistinctStreamSpec] pins across waves and restarts).
  *   - `flatMapGroupsWithState` in Append mode + the checkpointed file
  *     source give exactly-once register transitions — a replayed batch
  *     recomputes the same max and emits nothing new.
  */
object DistinctStream {

  /** Landing schema: (event_type, user_id) observation rows. */
  val obsSchema: StructType = StructType(Seq(
    StructField("event_type", StringType),
    StructField("user_id", LongType)))

  final case class RegObs(event_type: String, reg: Long, rho: Int)
  final case class RegState(mrho: Int)
  final case class RegRow(event_type: String, reg: Long, mrho: Int)

  /** Streaming transform: observation rows → newly-risen registers. */
  def newRegisters(events: DataFrame): Dataset[RegRow] = {
    implicit val obsEnc   = Encoders.product[RegObs]
    implicit val stateEnc = Encoders.product[RegState]
    implicit val outEnc   = Encoders.product[RegRow]
    implicit val keyEnc   = Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    events
      .select(col("event_type"), expr(Hll.hpExpr("user_id")).as("hp"))
      .select(col("event_type"), expr(Hll.regExpr).as("reg"),
        expr(Hll.rhoExpr).cast("int").as("rho")).as[RegObs]
      .groupByKey(r => (r.event_type, r.reg))
      .flatMapGroupsWithState[RegState, RegRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((t, reg), rows: Iterator[RegObs], state: GroupState[RegState]) =>
          val prev = state.getOption.map(_.mrho).getOrElse(0)
          var mx = prev
          rows.foreach(r => if (r.rho > mx) mx = r.rho)
          if (mx > prev) {
            state.update(RegState(mx))
            Iterator.single(RegRow(t, reg, mx))
          } else Iterator.empty
      }
  }

  /** Drain everything currently in `landingDir`, appending register rises
    * to `outDir`; restarts resume from the checkpoint. */
  def runAvailableNow(spark: SparkSession, landingDir: String,
      outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 10): Unit =
    Drain(spark, Seq(landingDir))(s => Seq(Drain.toParquet(newRegisters(
      Drain.files(s, obsSchema, landingDir, maxFilesPerTrigger)), outDir, checkpointDir)))

  /** The current register table: per-key MAX over the append sink (ranks
    * are monotone, so the max IS the latest). Explicit schema — an early
    * poll against a sink holding only `_spark_metadata` is an empty
    * sketch, not a crash. */
  def registerTable(spark: SparkSession, outDir: String): DataFrame = {
    val sinkSchema = StructType(Seq(
      StructField("event_type", StringType),
      StructField("reg", LongType),
      StructField("mrho", IntegerType)))
    spark.read.schema(sinkSchema).parquet(outDir)
      .groupBy(col("event_type"), col("reg"))
      .agg(max(col("mrho")).as("mrho"))
  }

  /** Distinct-so-far estimates per group from the sink's register table. */
  def estimates(spark: SparkSession, outDir: String): DataFrame =
    Hll.estimate(registerTable(spark, outDir), Seq("event_type"))
}
