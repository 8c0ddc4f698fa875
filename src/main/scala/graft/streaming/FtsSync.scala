package graft.streaming

import graft.operators.PersistedPostings
import graft.sources.AtomicWarehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** The inverted index as an INCREMENTALLY-MAINTAINED MATERIALIZED VIEW of a
  * lakehouse corpus table — the retraction IVM idea (`IncrementalAgg` over
  * the change feed) applied to a non-aggregate derived structure, riding
  * the generic [[ChangeFeedSync]] loop. Each window run lands as ONE atomic
  * index commit ([[PersistedPostings.applyWindowLedgered]]): merge-on-read
  * tombstones for the pre-window postings of retracted ids, the postings of
  * the last admitted text of admitted ids (tokenizing only that slice), the
  * netted stats rows and every version's ledger rows — so an UPDATE is
  * retraction-then-admission of the same id and the index after any DML mix
  * is bit-identical to a from-scratch build over the live corpus
  * ([[PersistedPostings.retractDocs]]'s equivalence argument, now
  * maintained continuously). Exactly-once, refusals, cursor fixpoint, and
  * the churn-not-size cost argument are [[ChangeFeedSync]]'s contract.
  *
  * Caller contract: the index must reflect the corpus as of the cursor
  * (seed via [[PersistedPostings.build]] on the corpus state at
  * feed-enable time, or start both empty), and this driver is the index's
  * ONLY maintainer (the ledger id space is corpus commit versions; mixing
  * in a stream's micro-batch ids would collide).
  */
class FtsSync(srcWh: AtomicWarehouse, corpusTable: String,
    corpusSchema: StructType, idCol: String, textCol: String,
    fts: PersistedPostings)
    extends ChangeFeedSync(srcWh, corpusTable, corpusSchema, idCol) {

  val cursorTable = s"${fts.postingsTable}/_sync/Cursor"
  protected def cursorWh: graft.sources.Warehouse = fts.wh
  protected def retractLedger: String = fts.retractTable
  protected def ingestLedger: String = fts.ingestTable

  protected def applyWindow(retracts: Seq[(Long, Seq[Long])],
      admits: Seq[(Long, DataFrame)]): Unit =
    fts.applyWindowLedgered(retracts, admits, idCol, textCol)
}
