package graft.streaming

import graft.operators.PersistedPostings
import graft.sources.{AtomicWarehouse, Warehouse}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** The inverted index as an INCREMENTALLY-MAINTAINED MATERIALIZED VIEW of a
  * lakehouse corpus table — the retraction IVM idea (`IncrementalAgg` over
  * the change feed) applied to a non-aggregate derived structure, riding
  * the generic [[ChangeFeedSync]] loop. Each window run lands as ONE atomic
  * index commit ([[PersistedPostings.applyWindow]]): merge-on-read
  * tombstones for the pre-window postings of retracted ids, the postings of
  * the last admitted text of admitted ids (tokenizing only that slice), the
  * netted stats rows and the replay high-water through the run — so an UPDATE is
  * retraction-then-admission of the same id and the index after any DML mix
  * is bit-identical to a from-scratch build over the live corpus
  * ([[PersistedPostings.retractDocs]]'s equivalence argument, now
  * maintained continuously). Exactly-once, refusals, cursor fixpoint, and
  * the churn-not-size cost argument are [[ChangeFeedSync]]'s contract.
  *
  * Caller contract: the index must reflect the corpus as of the cursor
  * (seed via [[PersistedPostings.build]] on the corpus state at
  * feed-enable time, or start both empty), and this driver is the index's
  * ONLY maintainer.
  */
class FtsSync(srcWh: AtomicWarehouse, corpusTable: String,
    corpusSchema: StructType, idCol: String, textCol: String,
    fts: PersistedPostings)
    extends ChangeFeedSync(srcWh, corpusTable, corpusSchema, idCol) {

  val cursorTable = s"${fts.postingsTable}/_sync/Cursor"
  protected def cursorWh: Warehouse = fts.wh
  override protected def legacyLedgerDir: Option[String] = Some("fts")

  protected def applyWindow(retracts: Seq[(Long, Seq[Long])],
      admits: Seq[(Long, DataFrame)]): Unit =
    fts.applyWindow(retracts, admits, idCol, textCol, markThrough)
}
