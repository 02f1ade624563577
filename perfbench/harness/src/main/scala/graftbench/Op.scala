package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One operation of a pass. Only `run` and the action on the frame it
  * returns are timed; `prepare` (input materialization) and `verify`
  * (the correctness check, which may also advance the workload's
  * reference model) run outside the timed region.
  *
  * @param module the graft layer the op exercises, for grouping
  *               (`""` for plain relational queries)
  * @param kind   `read` or `commit`
  * @param run    builds the op's result; graft's eager work (pins,
  *               collects, table commits) happens here. `None` means
  *               the op has no result frame (a table commit).
  * @param verify given the op's result frame, an error message when the
  *               output is wrong
  * @param saveResult write the frame's rows in the warm-up pass, for the
  *               DuckDB oracle check after the run */
final case class Op(
    name: String,
    module: String,
    kind: String,
    run: () => Option[DataFrame],
    prepare: () => Unit = () => (),
    verify: Option[DataFrame] => Option[String] = _ => None,
    saveResult: Boolean = false)

object Op {
  /** Row count plus two order-insensitive hash folds of every row. */
  def digest(df: DataFrame): (Long, Long, Long) = {
    val h: Column = xxhash64(df.columns.toSeq.map(col): _*)
    val r = df.agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
