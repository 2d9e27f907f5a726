package graft

import org.apache.spark.sql.DataFrame

/** Measures the ACTUAL shuffle traffic of a DataFrame action — the
  * number that decides whether a plan survives 100 TB. Plan-shape
  * assertions (PlanSpec) prove an Exchange exists or doesn't; this
  * proves how many bytes crossed it, so claims like "dedup shuffles
  * fingerprints, never text" become executable bounds instead of
  * Scaladoc prose (ShuffleAuditSpec).
  *
  * Implementation: [[JobTrace]] sums task-level shuffle metrics over
  * one noop-sink execution. Intended for tests/audits on an
  * otherwise-idle session (concurrent actions would pollute the
  * counts); not a production metrics pipeline.
  */
object ShuffleAudit {

  case class Shuffle(readBytes: Long, writeBytes: Long, recordsRead: Long)

  def of(df: DataFrame): Shuffle = {
    val (_, t) = JobTrace.of(df.sparkSession.sparkContext)(GraftSession.noopSeconds(df))
    Shuffle(t.shuffleReadBytes, t.shuffleWriteBytes, t.shuffleRecordsRead)
  }
}
