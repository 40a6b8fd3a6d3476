package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

/** Streaming CDC apply — the incremental half of a migration job once
  * the bulk copy lands (reference behavior: the bulk mover's target
  * must then be kept current; cf. the reference's per-table load loop,
  * py:347-353): a keyed I/U/D changelog arrives as a stream
  * and the engine maintains the current snapshot as exactly-once
  * per-key state, emitting the post-batch row (including tombstones)
  * in update mode. The latest emission per key IS the snapshot — the
  * same last-writer-wins contract as the batch `q_migrate_cdc_apply`,
  * which StreamingSpec pins stream==batch against.
  *
  * State is one record per key (constant, seq-monotone — replayed
  * input after a restart folds in idempotently because stale seqs
  * lose), on the transformWithState surface over RocksDB like the
  * engine's other stateful operators.
  */
object CdcStream {

  /** One changelog record; `cents` is None for deletes. */
  final case class CdcRecord(k: Long, seq: Int, op: String,
      status: String, cents: Option[Long])

  /** RocksDB changelog checkpointing, scoped: inside `f`, per-batch
    * state checkpoints persist only the batch's write-set (a changelog
    * file) instead of a full RocksDB snapshot, and recovery replays
    * the changelog on top of the last snapshot. At real state sizes
    * full-snapshot uploads are the state-commit cost bottleneck — the
    * snapshot is O(total state) per batch per partition, the changelog
    * O(batch's updates) — so this is the knob a 100 TB deployment
    * turns on; measured numbers in SCALING.md. Output is
    * bit-identical either way (the CDC catalog entries run under it
    * against the same DuckDB SQL that gated the full-snapshot runs,
    * and the history restart test recovers THROUGH a changelog
    * checkpoint). The previous session setting is restored after `f`. */
  def withChangelogCheckpointing[T](s: org.apache.spark.sql.SparkSession,
      enabled: Boolean = true)(f: => T): T =
    graft.SessionConf.withConfs(s, Map("spark.sql.streaming.stateStore" +
      ".rocksdb.changelogCheckpointing.enabled" -> Some(enabled.toString)))(f)

  /** SIDE EFFECT (session-global, by necessity): constructing this
    * Dataset selects the RocksDB state store for the whole session
    * (the declared memo [[graft.SessionConf.useRocksDbStateStore]],
    * whose doc says why it cannot be scoped). */
  def apply(log: Dataset[CdcRecord]): Dataset[CdcRecord] = {
    import log.sparkSession.implicits._
    graft.SessionConf.useRocksDbStateStore(log.sparkSession)
    log.groupByKey(_.k)
      .transformWithState(new CdcProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** One SCD2 version row: valid [validFrom, validTo) in changelog
    * seq space; `validTo` None = the key's current (open) version. */
  final case class VersionRow(k: Long, status: String, cents: Option[Long],
      valid_from: Int, valid_to: Option[Int], is_current: Boolean)

  /** Streaming SCD2 history maintenance — the incremental twin of the
    * batch lead()-window history build (q_migrate_cdc_history): state
    * is ONE record per key (the key's latest log record, same constant
    * bound as [[apply]]); each arriving record CLOSES the previous
    * non-delete version (emits it with valid_to = the new seq) and, if
    * itself a non-delete, emits its own OPEN version. Update-mode
    * last-emission-per-(k, valid_from) is therefore the finished
    * history: a version emitted open in batch i is re-emitted closed
    * in the batch its successor arrives, and the later emission wins.
    * Within one batch a version can both open and close — the
    * processor emits only each version's LAST state for the batch, so
    * per-(k, valid_from) emissions are unambiguous per batch. Replayed
    * records (seq <= stored seq) are dropped so re-delivery never
    * corrupts state; output-side exactly-once is the foreachBatch
    * sink's marker protocol, same as [[apply]].
    *
    * Same session-global provider SIDE EFFECT as [[apply]]. */
  def history(log: Dataset[CdcRecord]): Dataset[VersionRow] = {
    import log.sparkSession.implicits._
    graft.SessionConf.useRocksDbStateStore(log.sparkSession)
    log.groupByKey(_.k)
      .transformWithState(new CdcHistoryProcessor, TimeMode.None(),
        OutputMode.Update())
  }
}

/** Last-writer-wins state machine: keep the max-seq record per key,
  * emit the winner once per batch the key appears in. Ties cannot
  * happen (seq is unique per key by contract); replays are absorbed
  * because an already-applied seq never beats the stored one. */
final class CdcProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, CdcStream.CdcRecord, CdcStream.CdcRecord] {
  import CdcStream.CdcRecord

  @transient private var cur: ValueState[CdcRecord] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    cur = getHandle.getValueState[CdcRecord]("cur",
      Encoders.product[CdcRecord], TTLConfig.NONE)

  override def handleInputRows(k: Long, rows: Iterator[CdcRecord],
      tv: TimerValues): Iterator[CdcRecord] = {
    val prev = if (cur.exists()) Seq(cur.get()) else Seq.empty
    val best = (prev ++ rows).maxBy(_.seq)
    cur.update(best)
    Iterator.single(best)
  }
}

/** SCD2 state machine behind [[CdcStream.history]]: ValueState holds
  * the key's latest record; an arriving record closes the previous
  * non-delete version and (unless a delete) opens its own. Emissions
  * within a batch are deduplicated per version (last state wins) so
  * the update-mode sink sees one row per (k, valid_from) per batch. */
final class CdcHistoryProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, CdcStream.CdcRecord, CdcStream.VersionRow] {
  import CdcStream.{CdcRecord, VersionRow}

  @transient private var cur: ValueState[CdcRecord] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    cur = getHandle.getValueState[CdcRecord]("cur",
      Encoders.product[CdcRecord], TTLConfig.NONE)

  override def handleInputRows(k: Long, rows: Iterator[CdcRecord],
      tv: TimerValues): Iterator[VersionRow] = {
    // seq order within the batch: the fold's "previous" must be the
    // true predecessor even when one batch carries several records
    val ordered = rows.toSeq.sortBy(_.seq)
    val out = scala.collection.mutable.LinkedHashMap.empty[Int, VersionRow]
    var prev = if (cur.exists()) Some(cur.get()) else None
    ordered.foreach { r =>
      prev match {
        case Some(p) if r.seq <= p.seq => // replayed/stale — already folded
        case _ =>
          prev.filter(_.op != "D").foreach { p =>
            out(p.seq) = VersionRow(k, p.status, p.cents, p.seq,
              Some(r.seq), is_current = false)
          }
          if (r.op != "D")
            out(r.seq) = VersionRow(k, r.status, r.cents, r.seq,
              None, is_current = true)
          prev = Some(r)
      }
    }
    prev.foreach(cur.update)
    out.valuesIterator
  }
}
