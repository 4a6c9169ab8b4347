package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.classic.ExpressionUtils

/** The engine's one hand-built Catalyst sort order.
  *
  * A `SortOrder` can name expressions that order rows exactly as its key
  * does (`sameOrderExpressions`). Operators that check a required
  * ordering accept any of them, but a sort compares only the key. The
  * public Column API has no way to say this. In Spark 4.1 the
  * Column ↔ Expression conversion (`classic.ExpressionUtils`) is
  * `private[sql]`, so this object lives in an `org.apache.spark.sql`
  * subpackage to reach it. It uses nothing else that is private, adds no
  * optimizer rule and sets no conf. It is checked against Spark 4.1.2,
  * the version `build.sbt` compiles against; a Spark upgrade that moves
  * `ExpressionUtils` breaks the compile here and nowhere else.
  */
object SortOrders {

  /** `key` ascending (nulls first), declared to order rows exactly as
    * `same` does. The caller guarantees that the two are equal on every
    * row, typically by projecting `same` as the column `key` reads.
    * A sort on the result compares `key` alone; the sorted plan reports
    * an ordering on `same` as well, also after `key` is projected away.
    */
  def ascendingAs(key: Column, same: Column): Column =
    ExpressionUtils.column(SortOrder(ExpressionUtils.expression(key),
      Ascending, Ascending.defaultNullOrdering,
      Seq(ExpressionUtils.expression(same))))
}
