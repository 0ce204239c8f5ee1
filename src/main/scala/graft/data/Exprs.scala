package graft.data

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{array, element_at, transform}

/** Column-expression helpers shared by the operator layers. */
object Exprs {

  /** Expression-level let binding: evaluate `x` ONCE per row and expose it
    * to `f` as a lambda variable — lambda bodies re-evaluate captured
    * expression subtrees per element (a body holding
    * `element_at(split(...), i)` re-splits the string for every i —
    * quadratic), while a lambda variable is a cheap slot read. */
  def bound(x: Column)(f: Column => Column): Column =
    element_at(transform(array(x), v => f(v)), 1)
}
