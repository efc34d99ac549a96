package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Built-ins-only agreement reference for [[ArrayPairs]]: the nested
  * interpreted-transform shape the native expression replaced, pinned
  * equal to it by EmitSpec and NativeAgreementFuzzSpec. */
object ArrayPairsRef {
  def pairsHof(es: Column): Column =
    flatten(transform(es, (a, i) =>
      transform(slice(es, i + 2, size(es)),
        b => struct(a.as("x"), b.as("y")))))
}
