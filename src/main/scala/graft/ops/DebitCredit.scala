package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * P7: signed-amount split into debit (amount > 0) / credit (amount < 0)
 * columns, null elsewhere (reference `run.py:98-99,193-194`); the nulls are
 * later zero-coalesced (P9, `run.py:232,246`).
 */
object DebitCredit {

  def debit(amt: Column): Column = when(amt > 0, amt)
  def credit(amt: Column): Column = when(amt < 0, amt)
}
