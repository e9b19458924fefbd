package graft

import org.apache.spark.sql.DataFrame

/** Brute-force driver oracle for primary-key discovery: a combination is
  * unique when its projected rows are distinct (NULL equal to NULL, as in
  * a groupBy), and the minimal keys are the unique combinations with no
  * unique strict subset among the candidates. Listed in input order.
  */
object PkOracle {
  def minimalKeys(df: DataFrame, combinations: Seq[Seq[String]]): Seq[Seq[String]] = {
    val rows = df.collect().toSeq
    def unique(c: Seq[String]): Boolean = {
      val idx = c.map(df.schema.fieldIndex)
      val projected = rows.map(r => idx.map(r.get))
      projected.distinct.size == projected.size
    }
    val valid = combinations.filter(unique)
    valid.filter(c => !valid.exists(o => o.toSet != c.toSet && o.toSet.subsetOf(c.toSet)))
  }
}
