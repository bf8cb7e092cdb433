package graft.streaming

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Bounded in-memory collector of per-micro-batch streaming progress —
  * the ops-monitoring hook a production pipeline exports to its metrics
  * system. Pairs with [[StreamingPipeline.withQualityMetrics]]: the
  * `observe`d data-quality counters ride each progress event and surface
  * here alongside the engine's own rates and state sizes, with no extra
  * aggregation or shuffle anywhere. Each snapshot also keeps the rows the
  * state operators dropped as late and the trigger's duration split.
  *
  * Bounded by design: the newest `capacity` snapshots win, so a
  * long-running query cannot grow driver memory (the export loop drains
  * faster than the trigger rate in practice). One monitor instance may
  * observe many queries — snapshots carry the query name.
  */
final class ProgressMonitor(spark: SparkSession, capacity: Int = 256) {

  final case class Snapshot(
      queryName: String,
      batchId: Long,
      numInputRows: Long,
      stateRowsTotal: Long,
      numRowsDroppedByWatermark: Long,
      durationMs: Map[String, Long],
      observed: Map[String, Map[String, Any]])

  /** The `durationMs` entries a snapshot keeps: sink write, offset log
    * write, commit log write and the whole trigger. */
  private val Phases = Set("addBatch", "walCommit", "commitOffsets", "triggerExecution")
  private val buf = mutable.ArrayDeque.empty[Snapshot]

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val observed = p.observedMetrics.asScala.map { case (name, row) =>
        name -> row.schema.fieldNames.zipWithIndex.map { case (f, i) => f -> row.get(i) }.toMap
      }.toMap
      val snap = Snapshot(
        Option(p.name).getOrElse(""),
        p.batchId,
        p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.numRowsDroppedByWatermark).sum,
        p.durationMs.asScala.collect { case (k, v) if Phases(k) => k -> v.longValue }.toMap,
        observed)
      ProgressMonitor.this.synchronized {
        buf.append(snap)
        while (buf.length > capacity) { buf.removeHead(); () }
      }
    }
  }

  def attach(): ProgressMonitor = { spark.streams.addListener(listener); this }
  def detach(): Unit = spark.streams.removeListener(listener)

  def snapshots: Seq[Snapshot] = synchronized { buf.toSeq }
  def snapshotsFor(queryName: String): Seq[Snapshot] =
    snapshots.filter(_.queryName == queryName)
  def totalInputRows(queryName: String): Long =
    snapshotsFor(queryName).map(_.numInputRows).sum
}
