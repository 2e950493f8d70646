package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The batch schedule of the maintained-replay catalog queries
  * (q322–q331), written once: a family supplies its stores, its add
  * step and its delete step; the schedule owns the batches and
  * their order.
  *
  *   - Without deletes, the table arrives in `nBatches` deterministic
  *     id-modulo batches, each through `add`.
  *   - With deletes, the first nBatches−1 batches add; one tombstone
  *     batch removes every already-ingested id ≡ res (mod mod)
  *     through `delete`; the last modulo batch adds against the
  *     tombstoned stores (no ghost candidates; a new record may
  *     re-match a singleton survivor); with `reAdd` the removed rows
  *     arrive AGAIN as one final batch (un-takedowns), a fresh ingest
  *     against the live stores in which severed edges re-form.
  *
  * The removed set is a pure predicate over the table, which is what
  * lets one DuckDB oracle per family gate the whole discipline: the
  * one-shot query over the shrunk corpus, or over the full corpus
  * after a re-add. */
private[ext] object Replay {

  /** A tombstone batch: every already-ingested id ≡ `res` (mod
    * `mod`), and with `reAdd` those rows arriving again last. */
  final case class Deletes(mod: Int, res: Int, reAdd: Boolean)

  /** Runs the schedule. `delete` receives the removed ids as one
    * column `id`. */
  def run(rows: DataFrame, idCol: String, nBatches: Int,
      deletes: Option[Deletes])(
      add: DataFrame => Unit, delete: DataFrame => Unit): Unit = {
    val id = col(idCol)
    def batch(b: Int): DataFrame =
      rows.filter(pmod(id, lit(nBatches.toLong)) === b)
    deletes match {
      case None => (0 until nBatches).foreach(b => add(batch(b)))
      case Some(Deletes(mod, res, reAdd)) =>
        require(nBatches >= 2, "need at least one add batch after the deletes")
        (0 until nBatches - 1).foreach(b => add(batch(b)))
        // lazy: materializes inside the delete's first action
        val removedRows = rows
          .filter(pmod(id, lit(mod.toLong)) === res &&
            pmod(id, lit(nBatches.toLong)) =!= (nBatches - 1))
          .localCheckpoint(eager = false)
        delete(removedRows.select(id.as("id")))
        add(batch(nBatches - 1))
        if (reAdd) add(removedRows)
    }
  }

  /** `df` without the rows whose `idCols` hold a removed id, in
    * `df`'s column order (a using-join moves its key first). */
  def drop(df: DataFrame, removed: DataFrame, idCols: String*): DataFrame =
    idCols.foldLeft(df)((d, c) =>
      d.join(removed.select(col("id").as(c)), Seq(c), "left_anti"))
      .select(df.columns.map(col).toIndexedSeq: _*)
}
