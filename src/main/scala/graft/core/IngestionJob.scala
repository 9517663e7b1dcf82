package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.dq.{DQRuleSet, DQSummary}
import graft.io.SourceReader
import graft.lakehouse.{LakehouseTable, Retention, SinkWriter}
import graft.schema.SchemaValidator

/** One ingestion job: read -> validate -> DQ -> write
  * (reference `/root/reference/src/main/scala/com/lakehouse/ingestion/core/
  * IngestionJob.scala:31-163`), with three behavioral upgrades:
  *
  *  1. DQ runs as ONE aggregate pass ([[graft.dq.DQRuleSet]]), not 2k scans.
  *  2. QUARANTINE is implemented: violating rows (tagged with `dq_reasons`)
  *     land in a quarantine table; clean rows proceed. The micro-batch is
  *     persisted across the two-branch write so the source isn't rescanned.
  *  3. Streaming jobs run validation + DQ per micro-batch via `foreachBatch`
  *     (the reference skips both on streams, `IngestionJob.scala:73,87`) and
  *     return the [[StreamingQuery]] instead of blocking.
  *  4. Registry `pii: true` fields are masked before ANY sink — including
  *     quarantine — when `piiMask` is set ([[graft.dq.PiiMask]]; the
  *     reference declares the flag but never consumes it).
  *  5. After a successful batch write the source high-water mark advances
  *     (`watermarkAdvance`), so the next incremental run reads only new
  *     rows — without this the stored mark never moves and every run
  *     re-appends the full table.
  *  6. Registry `retention_days` is enforced on write when `retention`
  *     names a governing time column: expired rows are filtered before DQ
  *     (a literal cutoff — prunable, zero extra scans); rows whose time is
  *     null are kept and reach DQ.
  */
final case class IngestionJob(domain: String, dataset: String,
                              layer: MedallionLayer,
                              reader: SourceReader, writer: SinkWriter,
                              target: LakehouseTable,
                              expectedSchema: Option[StructType] = None,
                              ruleSet: Option[DQRuleSet] = None,
                              quarantine: Option[LakehouseTable] = None,
                              mode: SaveMode = SaveMode.Append,
                              checkpoint: Option[String] = None,
                              triggerInterval: String = "30 seconds",
                              piiMask: Option[graft.dq.PiiMask.Strategy] = None,
                              // (store, watermark column, store key)
                              watermarkAdvance: Option[(graft.io.WatermarkStore, String, String)] = None,
                              // run after every successful batch write —
                              // e.g. ApiReader.commitCursor persists the
                              // API cursor only once its pages are durably
                              // in a sink (crash before this refetches,
                              // never loses)
                              postCommit: Seq[() => Unit] = Seq.empty,
                              // (time column, retention_days) — rows older
                              // than the cutoff are dropped before DQ/write
                              retention: Option[(String, Long)] = None) {

  def run(spark: SparkSession): JobResult = {
    val df = reader.read(spark)
    if (df.isStreaming) JobResult(None, Some(runStreaming(df)))
    else JobResult(Some(runBatch(df)), None)
  }

  /** Batch path; also the body of each streaming micro-batch. */
  private[core] def runBatch(raw: DataFrame): DQSummary = {
    expectedSchema.foreach(SchemaValidator.validateOrThrow(raw, _))
    // registry retention_days: expired rows never reach DQ or a sink; an
    // unknown (null) time is not an expired one, so those rows reach DQ
    val df = retention match {
      case Some((column, days)) =>
        val cutoff = lit(Retention.cutoffFor(java.time.LocalDate.now(), days))
        raw.filter(col(column).isNull || col(column) >= cutoff)
      case None => raw
    }
    // mask registry-flagged pii columns before anything is persisted to a
    // sink; quarantined rows go through the same mask below
    def masked(d: DataFrame): DataFrame = (piiMask, expectedSchema) match {
      case (Some(s), Some(schema)) => graft.dq.PiiMask.mask(d, schema, s)
      case _                       => d
    }
    // persist when the batch is consumed more than once (quarantine split
    // writes two branches; watermark advance adds a max() aggregate)
    val multiUse =
      ruleSet.exists(_.policy == graft.dq.DQPolicy.QuarantineRows) ||
        watermarkAdvance.nonEmpty
    val input = if (multiUse) df.persist() else df
    try {
      // what the watermark may advance over: everything READ when every
      // split row lands in SOME sink; only the CLEAN rows when quarantine
      // splitting is active but no quarantine table is configured — in
      // that configuration bad rows are stored nowhere, and moving the
      // mark past them would skip them forever.
      var markSource = input
      val summary = ruleSet match {
        case None =>
          writer.write(masked(input), target, mode)
          DQSummary(Seq.empty, -1L)
        case Some(rs) =>
          val (clean, bad, s) = rs.enforce(input)
          writer.write(masked(clean), target, mode)
          (bad, quarantine) match {
            case (Some(b), Some(q)) => writer.write(masked(b), q, SaveMode.Append)
            case (Some(_), None)    => markSource = clean
            case _                  => ()
          }
          s
      }
      watermarkAdvance.foreach { case (store, column, key) =>
        store.advance(markSource, column, key)
      }
      postCommit.foreach(_.apply())
      summary
    } finally {
      if (multiUse) { input.unpersist(); () }
    }
  }

  private def runStreaming(df: DataFrame): StreamingQuery = {
    val cp = checkpoint.getOrElse(defaultCheckpoint)
    if (expectedSchema.isEmpty && ruleSet.isEmpty)
      writer.writeStream(df, target, cp, triggerInterval)
    else
      df.writeStream
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerInterval))
        .foreachBatch { (batch: DataFrame, _: Long) => runBatch(batch); () }
        .start()
  }

  /** `/tmp/checkpoints/{domain}/{dataset}/{layer}` (reference
    * `core/IngestionJob.scala:136-141`). */
  def defaultCheckpoint: String =
    s"/tmp/checkpoints/$domain/$dataset/${layer.name}"
}

final case class JobResult(batchSummary: Option[DQSummary],
                           streamingQuery: Option[StreamingQuery])
